package graft.sources

import graft.cdc._
import graft.mysql.{BinlogClient, BinlogEvents, BinlogToOps}
import graft.streaming.OperationJson
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** S1, live: the socket client wired into the SAME DSv2 offset/envelope
  * model as the replay source (the reference's syncer loop,
  * /root/reference/canal/sync.go:69-225, expressed as: ONE sequential
  * protocol thread on the driver feeding a bounded buffer; micro-batches
  * slice the buffer; executors decode/render the generic envelope).
  *
  * Startup mirrors the reference's order: connect → ROW-format
  * precondition (S2) → heartbeat period (T8) → register slave → dump.
  * Committed offsets trim the buffer prefix, so driver memory is bounded
  * by the uncommitted window: at most `maxBuffer` events × (rendered JSON
  * + Operation) bytes — with the 2^20 default and typical ~1 KiB ops,
  * ≈1 GiB worst case; size `maxBuffer` to the JVM heap. That buffer
  * still bounds the uncommitted window; a micro-batch takes at most
  * `maxEventsPerTrigger` events of it (default 2048,
  * [[LiveBinlogMicroBatchStream.DefaultMaxEventsPerTrigger]]), which bounds
  * one batch's task payload and makes a backlog durable in bounded steps
  * rather than one produce burst; lower it so commits trim faster.
  * (A disk-spill ring for
  * the uncommitted window is the next escalation if a deployment needs a
  * deeper window than the heap allows; a single ordered protocol thread
  * is inherent to CDC — the reference's syncer goroutine is the same.)
  *
  * `spark.readStream.format("binlog-live").option("host", …)` for
  * production; specs drive [[LiveBinlogFeed]] and the stream directly with
  * scripted conversations (no live server in CI).
  */
final class LiveBinlogFeed(
    client: BinlogClient,
    serverId: Long,
    startFile: String,
    startPos: Long,
    schemaLookup: (String, String) => Option[TableDef],
    heartbeatPeriodSec: Double = 30.0,
    maxBuffer: Int = 1 << 20,
    startGtid: Option[Gset] = None,
    reconnect: Option[LiveBinlogFeed.Reconnect] = None) {

  import BinlogReplaySource.Ev

  private val buf = mutable.ArrayBuffer.empty[Ev]
  private var base = 0L // absolute index of buf(0) (committed prefix trimmed)
  @volatile private var failureOpt: Option[Throwable] = None
  private val mapper = new BinlogToOps(schemaLookup)
  private val tablesSeen = mutable.Map.empty[Long, BinlogEvents.TableMap]
  private var logName = startFile
  private var seq = 0L
  private var gset: Gset = startGtid.getOrElse(GtidSet.empty)
  // in-session resume cursor: the END position of the last fully ingested
  // event — a reconnect dumps from exactly here, so nothing is re-emitted
  // and nothing is lost (the event interrupted mid-frame was never
  // ingested; the server resends from its start)
  private var lastPos: Long = startPos
  private var eventsSeen = false
  @volatile private var reconnects = 0

  /** Completed transport reconnects (observability + specs). */
  def reconnectCount: Int = reconnects

  def failure: Option[Throwable] = failureOpt

  /** Absolute high-watermark (event count ingested so far). */
  def watermark: Long = synchronized(base + buf.size)

  /** Events in [from, until) by absolute index. */
  def slice(from: Long, until: Long): Vector[Ev] = synchronized {
    buf.slice((from - base).toInt, (until - base).toInt).toVector
  }

  def positionAt(idx: Long): Option[Ev] = synchronized {
    val i = (idx - 1 - base).toInt
    if (i >= 0 && i < buf.size) Some(buf(i)) else None
  }

  /** Drop the committed prefix (micro-batch commit); releases a feed
    * thread blocked on a full buffer. */
  def trimTo(idx: Long): Unit = synchronized {
    val drop = math.min((idx - base).toInt, buf.size) // bound BEFORE mutating
    if (drop > 0) { buf.remove(0, drop); base += drop }
    notifyAll()
  }

  def start(): LiveBinlogFeed = {
    val t = new Thread(() => run(), "binlog-live-feed")
    t.setDaemon(true)
    t.start()
    this
  }

  /** The sequential protocol loop (runs on the feed thread; also callable
    * synchronously in tests with a finite scripted stream).
    *
    * Transport errors (IOException — a dropped socket, a truncated frame)
    * RECONNECT when a [[LiveBinlogFeed.Reconnect]] policy is configured,
    * mirroring go-mysql's `BinlogSyncer` retry loop the reference's canal
    * rides on: a fresh connection re-runs the startup sequence and dumps
    * from the in-session cursor — the end position of the last fully
    * ingested event — so the buffer sees no duplicates and no gaps, and
    * all session state (schema maps already seen, the accumulated GTID
    * set, the seq counter) carries across the transport swap. Resume is
    * always by (file, pos): a GTID start is only needed for the FIRST
    * connection's failover semantics — mid-session positions are valid on
    * the same master, and a true failover is a restart-from-checkpoint
    * concern. Non-transport failures (the S2 gates, decode errors) fail
    * fast — retrying a config error just loops. */
  def run(): Unit = {
    var active = client
    var done = false
    while (!done)
      try { runOnce(active); done = true }
      catch {
        case e: java.io.IOException if reconnect.exists(r => reconnects < r.maxRetries) =>
          val r = reconnect.get
          reconnects += 1
          Thread.sleep(r.backoffMs * reconnects)
          try active = r.factory()
          catch { case t: Throwable => failureOpt = Some(t); done = true }
        case e: Throwable => failureOpt = Some(e); done = true
      }
  }

  private def runOnce(client: BinlogClient): Unit = {
    {
      client.connect()
      client.checkBinlogRowFormat() match { // S2 precondition
        case Left(reason) => throw new IllegalStateException(reason)
        case Right(()) => ()
      }
      client.checkBinlogRowImage() match { // S2: FULL row images required
        case Left(reason) => throw new IllegalStateException(reason)
        case Right(()) => ()
      }
      client.setHeartbeatPeriod(heartbeatPeriodSec) // T8
      client.registerSlave(serverId)
      // GTID start survives master failover (the server resolves file+pos
      // for us); empty/absent set falls back to the (file, pos) dump —
      // the reference's GtidEnabled switch (canal/sync.go:46-67). The
      // flavor is the start set's own: MariaDB announces its state in
      // session vars + a plain dump, MySQL issues COM_BINLOG_DUMP_GTID.
      // After the first ingested event the cursor takes over: reconnects
      // resume at (logName, lastPos) regardless of how the feed started.
      val stream =
        if (eventsSeen) client.dump(logName, lastPos, serverId)
        else startGtid.filter(!_.isEmpty) match {
          case Some(m: GtidSet.Mariadb) => client.dumpMariadbGtid(m, serverId)
          case Some(s: GtidSet) => client.dumpGtid(s, serverId)
          case None => client.dump(startFile, startPos, serverId)
        }
      stream.foreach { case (h, ev) =>
        val ops: Seq[Operation] = ev match {
          case r: BinlogEvents.Rows =>
            val tm = tablesSeen.getOrElse(r.tableId,
              throw new IllegalStateException(s"rows for unmapped table ${r.tableId}"))
            Seq(mapper.toRowsOperation(h, r, tm))
          case tm: BinlogEvents.TableMap =>
            tablesSeen(tm.tableId) = tm
            Nil
          case other => mapper.toOperation(h, other).toSeq
        }
        ops.foreach { op0 =>
          if (op0.opType == OpType.Rotate) {
            logName = op0.nextLogName.getOrElse(logName)
            // the cursor jumps with the rotate: the next event lives at
            // the head of the NEW file
            op0.nextLogPos.foreach(lastPos = _)
          }
          if (op0.opType == OpType.Gtid) op0.gtid.foreach { g =>
            // the event's own format picks the flavor: MySQL `uuid:gno`
            // vs MariaDB `domain-server-seq` (a server emits exactly one).
            // A NON-EMPTY start set of the other flavor is a configuration
            // error (wrong mysql_addr / a checkpoint from before a
            // migration) — fail fast rather than silently dropping the
            // already-replayed transactions from every later checkpoint
            def flavorMismatch(ev: String): Nothing = throw new IllegalStateException(
              s"GTID flavor mismatch: server emits $ev but the start/accumulated set is " +
                s"${gset.getClass.getSimpleName} ($gset) — check mysql_addr / the checkpoint")
            if (g.contains(':')) {
              val i = g.lastIndexOf(':')
              val base = gset match {
                case s: GtidSet => s
                case other => if (other.isEmpty) GtidSet.empty else flavorMismatch("MySQL uuid:gno")
              }
              gset = base.add(g.substring(0, i), g.substring(i + 1).toLong)
            } else {
              val parts = g.split("-")
              val base = gset match {
                case m: GtidSet.Mariadb => m
                case other => if (other.isEmpty) GtidSet.Mariadb.empty
                  else flavorMismatch("MariaDB domain-server-seq")
              }
              gset = base.add(parts(0).toLong, parts(1).toLong, parts(2).toLong)
            }
          }
          // progress attaches only at trx boundaries (T1) — XID/DDL with
          // the accumulated GTID set, the reference's savePos points
          // (canal/sync.go:86-91); this is what the sink checkpoints read
          val op =
            if (op0.opType == OpType.Commit || op0.opType == OpType.Ddl)
              op0.copy(progress = Some(Progress(
                Position(logName, op0.header.logPos, op0.header.serverId),
                if (gset.isEmpty) None else Some(gset))))
            else op0
          seq += 1
          val e = Ev(seq, logName, OperationJson.render(op), op)
          // backpressure: the socket reader blocks while the uncommitted
          // window is full — a slow consumer must not turn into unbounded
          // driver memory (commit/trimTo releases the feed)
          synchronized {
            while (buf.size >= maxBuffer) wait()
            buf += e
          }
        }
        // the event is fully ingested — advance the in-session resume
        // cursor to its END position (rotate already moved it when the
        // event was a file switch)
        if (h.logPos > 0) lastPos = h.logPos
        eventsSeen = true
      }
    }
  }
}

object LiveBinlogFeed {
  /** Transport-retry policy: `factory` opens a NEW connection (socket or
    * scripted conversation); `maxRetries` bounds reconnects per feed
    * lifetime; backoff is linear (`backoffMs × attempt`). */
  final case class Reconnect(
      factory: () => BinlogClient,
      maxRetries: Int = 3,
      backoffMs: Long = 500)
}

class BinlogLiveSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "binlog-live"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BinlogReplaySource.SCHEMA
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new LiveBinlogTable(opts)
  }
}

class LiveBinlogTable(opts: CaseInsensitiveStringMap) extends Table with SupportsRead {
  require(opts.get("host") != null, "binlog-live requires option 'host'")
  override def name(): String = s"binlog-live(${opts.get("host")}:${opts.get("port")})"
  override def schema(): StructType = BinlogReplaySource.SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = BinlogReplaySource.SCHEMA
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
        val client = BinlogClient.connect(opts.get("host"),
          Option(opts.get("port")).map(_.toInt).getOrElse(3306),
          opts.get("user"), Option(opts.get("password")).getOrElse(""))
        // schemaSql: seed DDL file (one statement per line) — the schema
        // mirror that names row columns (the binlog carries only type
        // codes); without it rows fall back to positional col_N names
        val lookup: (String, String) => Option[TableDef] =
          Option(opts.get("schemaSql")) match {
            case Some(f) =>
              val tracker = new SchemaTracker
              java.nio.file.Files.readAllLines(java.nio.file.Paths.get(f))
                .asScala.map(_.trim).filter(_.nonEmpty)
                .foreach(stmt => tracker.execDdl(stmt, ""))
              tracker.getTableDef(_, _)
            case None => (_, _) => None
          }
        // transport-blip tolerance: maxReconnects > 0 (default 3) retries
        // dropped sockets with a fresh connection resuming at the
        // in-session (file, pos) cursor — the go-mysql BinlogSyncer
        // behavior the reference's canal rides on
        val reconnect = Option(opts.get("maxReconnects")).map(_.toInt)
          .orElse(Some(3)).filter(_ > 0).map(n =>
            LiveBinlogFeed.Reconnect(() => BinlogClient.connect(opts.get("host"),
              Option(opts.get("port")).map(_.toInt).getOrElse(3306),
              opts.get("user"), Option(opts.get("password")).getOrElse("")),
              maxRetries = n,
              backoffMs = Option(opts.get("reconnectBackoffMs")).map(_.toLong).getOrElse(500L)))
        val feed = new LiveBinlogFeed(client,
          Option(opts.get("serverId")).map(_.toLong).getOrElse(1001L),
          Option(opts.get("startFile")).getOrElse(""),
          Option(opts.get("startPos")).map(_.toLong).getOrElse(4L),
          lookup,
          startGtid = Option(opts.get("startGtid")).map(Gset.parse),
          reconnect = reconnect).start()
        new LiveBinlogMicroBatchStream(feed,
          Option(opts.get("maxEventsPerTrigger")).map(_.toLong)
            .getOrElse(LiveBinlogMicroBatchStream.DefaultMaxEventsPerTrigger))
      }
    }
}

/** Offsets reuse [[ReplayOffset]] — the (event_idx, file, pos, server_id)
  * axis a restart resumes from. Each micro-batch advances by at most
  * `maxPerTrigger` events. */
class LiveBinlogMicroBatchStream(feed: LiveBinlogFeed,
    maxPerTrigger: Long = LiveBinlogMicroBatchStream.DefaultMaxEventsPerTrigger)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxRows}

  private def offsetAt(idx: Long): ReplayOffset =
    if (idx <= 0) ReplayOffset.zero
    else feed.positionAt(idx) match {
      case Some(e) => ReplayOffset(idx, e.logName, e.op.header.logPos, e.op.header.serverId)
      case None => ReplayOffset(idx, "", 0L, 0L) // trimmed: identity only
    }

  override def initialOffset(): Offset = ReplayOffset.zero
  override def latestOffset(): Offset = {
    feed.failure.foreach(e => throw new IllegalStateException("binlog feed failed", e))
    offsetAt(feed.watermark)
  }
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxPerTrigger)
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    feed.failure.foreach(e => throw new IllegalStateException("binlog feed failed", e))
    val s = start.asInstanceOf[ReplayOffset].eventIdx
    limit match {
      case mr: ReadMaxRows => offsetAt(math.min(feed.watermark, s + mr.maxRows))
      case _ => offsetAt(feed.watermark)
    }
  }
  override def deserializeOffset(json: String): Offset = ReplayOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ReplayOffset].eventIdx
    val e = end.asInstanceOf[ReplayOffset].eventIdx
    // the feed buffer lives on the driver: ship the slice (a live stream
    // has no executor-side replayable store; this IS the handoff point)
    Array(LiveSlice(feed.slice(s, e).map(ev => (ev.seqNo, ev.logName, ev.json))))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new LiveReaderFactory(BinlogReplaySource.SCHEMA)
  override def commit(end: Offset): Unit =
    feed.trimTo(end.asInstanceOf[ReplayOffset].eventIdx)
  override def stop(): Unit = ()
}

object LiveBinlogMicroBatchStream {
  /** Events per micro-batch when `maxEventsPerTrigger` is not set: large
    * enough that a backlog's per-trigger fixed cost stays small per event,
    * small enough that no batch carries a whole backlog as one produce
    * burst. An explicit option wins. */
  val DefaultMaxEventsPerTrigger: Long = 2048L
}

final case class LiveSlice(events: Vector[(Long, String, String)]) extends InputPartition

class LiveReaderFactory(required: StructType) extends PartitionReaderFactory {
  private val ordinals: Array[Int] =
    required.fieldNames.map(BinlogReplaySource.SCHEMA.fieldIndex)
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val slice = partition.asInstanceOf[LiveSlice]
    new PartitionReader[InternalRow] {
      private val it = slice.events.iterator
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) {
          val (seqNo, logName, json) = it.next()
          val values = BinlogReplaySource.toValues(
            BinlogReplaySource.Ev(seqNo, logName, json, OperationJson.parse(json)))
          cur = new GenericInternalRow(ordinals.map(values))
          true
        } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
